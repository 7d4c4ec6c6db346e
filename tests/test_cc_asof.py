"""connected_components / dedup_clusters / asof_join.

Oracles are independent: a pure-Python union-find for components, and
pandas.merge_asof for the temporal join.
"""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geotables_jl_spark.operators.asof import asof_join
from geotables_jl_spark.operators.dedup import connected_components, dedup_clusters


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize("sgm", [1_000_000, 0], ids=["fastpath", "distributed"])
def test_cc_chain_and_islands(spark, sgm):
    # a 40-node chain (worst case for plain label propagation: needs
    # pointer jumping to converge in O(log n)), two islands, dup/reversed
    # edges and a self-loop; sgm=0 forces the distributed loop, the
    # default takes the driver union-find fast path
    edges = [(i, i + 1) for i in range(100, 140)]
    edges += [(7, 3), (3, 9), (50, 51), (51, 50), (60, 60)]
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    got = {
        r["id"]: r["comp"]
        for r in connected_components(df, max_iter=12, small_graph_max=sgm).collect()
    }
    want = _uf_components([(u, v) for u, v in edges if u != v])
    assert got == want
    # chain collapses to its min node
    assert got[139] == 100 and got[9] == 3


def test_cc_random_graphs_vs_union_find(spark):
    rng = random.Random(4242)
    for trial in range(3):
        n = 200
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(150 + 50 * trial)
        ]
        edges = [(u, v) for u, v in edges if u != v]
        df = spark.createDataFrame(edges, "id_a: long, id_b: long")
        got = {r["id"]: r["comp"] for r in connected_components(df).collect()}
        assert got == _uf_components(edges)
        forced = {
            r["id"]: r["comp"]
            for r in connected_components(df, small_graph_max=0).collect()
        }
        assert forced == got


def test_dedup_clusters_matches_pairwise_closure(spark):
    # docs engineered into two near-dup clusters + singletons
    base = "the quick brown fox jumps over the lazy dog again and again today"
    alt = "completely different content about spark shuffles and parquet files here"
    rows = [
        (1, base), (2, base + " x"), (3, base + " y"),
        (10, alt), (11, alt + " z"),
        (20, "a short unrelated sentence"), (21, "another unrelated one entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = dedup_clusters(df, "doc_id", "text", threshold=0.5, shingle_n=2)
    got = {(r["doc_id"], r["cluster_id"], r["csize"]) for r in out.collect()}
    assert got == {
        (1, 1, 3), (2, 1, 3), (3, 1, 3),
        (10, 10, 2), (11, 10, 2),
    }


def test_asof_backward_fixture(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 7, "d")],
        "k: long, t: long, lv: string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 99, 990.0)],
        "k: long, t: long, rv: double",
    )
    out = asof_join(left, right, on=["k"], ts="t").orderBy("k", "t").collect()
    # (k=1,t=5): no prior -> null; (t=10): inclusive match at 10;
    # (t=20): latest prior is 15; (k=2,t=7): right only at 99 -> null
    assert [(r["k"], r["t"], r["t_r"], r["rv_r"]) for r in out] == [
        (1, 5, None, None),
        (1, 10, 10, 100.0),
        (1, 20, 15, 150.0),
        (2, 7, None, None),
    ]
    assert out[0]["lv"] == "c"  # left columns pass through


def test_asof_forward_tolerance_ties(spark):
    left = spark.createDataFrame([(1, 10), (1, 30)], "k: long, t: long")
    right = spark.createDataFrame(
        [(1, 12, 7, "lo"), (1, 12, 9, "hi"), (1, 90, 1, "far")],
        "k: long, t: long, rid: long, rv: string",
    )
    fwd = asof_join(left, right, on=["k"], ts="t", kind="forward", tie_col="rid")
    got = {(r["t"], r["rv_r"]) for r in fwd.collect()}
    # forward: t=10 -> earliest >=10 is ts 12, tie -> min rid wins; t=30 -> 90
    assert got == {(10, "lo"), (30, "far")}
    tol = asof_join(
        left, right, on=["k"], ts="t", kind="forward", tolerance_s=5, tie_col="rid"
    )
    got_tol = {(r["t"], r["rv_r"]) for r in tol.collect()}
    assert got_tol == {(10, "lo"), (30, None)}  # 90-30 > 5 -> nulled, row kept


def test_asof_random_vs_pandas_merge_asof(spark):
    rng = random.Random(99)
    lrows = [(rng.randrange(5), rng.randrange(1000)) for _ in range(300)]
    rrows_set = set()
    while len(rrows_set) < 200:
        rrows_set.add((rng.randrange(5), rng.randrange(1000)))
    rrows = [(k, t, float(k * 10000 + t)) for k, t in sorted(rrows_set)]
    left = spark.createDataFrame(lrows, "k: long, t: long")
    right = spark.createDataFrame(rrows, "k: long, t: long, rv: double")
    got = (
        asof_join(left, right, on=["k"], ts="t")
        .orderBy("k", "t")
        .toPandas()[["k", "t", "rv_r"]]
    )
    lp = pd.DataFrame(lrows, columns=["k", "t"]).sort_values("t")
    rp = pd.DataFrame(rrows, columns=["k", "t", "rv"]).sort_values("t")
    want = (
        pd.merge_asof(lp, rp, on="t", by="k", direction="backward")
        .sort_values(["k", "t"])
        .reset_index(drop=True)
    )
    assert list(got["k"]) == list(want["k"])
    assert list(got["t"]) == list(want["t"])
    gv = got["rv_r"].fillna(-1).tolist()
    wv = want["rv"].fillna(-1).tolist()
    assert gv == wv


def test_asof_validation(spark):
    df = spark.createDataFrame([(1, 2)], "k: long, t: long")
    with pytest.raises(ValueError):
        asof_join(df, df, on=[], ts="t")
    with pytest.raises(ValueError):
        asof_join(df, df, on=["k"], ts="missing")
    with pytest.raises(ValueError):
        asof_join(df, df.withColumnRenamed("t", "x"), on=["k"], ts="t")
    clash = df.withColumn("t_r", F.lit(1))
    with pytest.raises(ValueError):
        asof_join(clash, df, on=["k"], ts="t")


def test_asof_null_timestamps(spark):
    """NULL-ts rows must never corrupt matches (pandas merge_asof rejects
    null keys; we drop right nulls and null left-null matches):

    - a NULL-ts RIGHT row would sort before every real row in backward
      mode and leak its payload into left rows preceding any real match;
    - a NULL-ts LEFT row in forward mode (ts desc, nulls last) would pick
      up the minimum-ts right payload. Both must yield null matches.
    """
    left = spark.createDataFrame(
        [(1, 5), (1, 20), (1, None), (2, None)], "k: long, t: long"
    )
    right = spark.createDataFrame(
        [(1, None, -1.0), (1, 10, 100.0), (2, None, -2.0)],
        "k: long, t: long, rv: double",
    )
    back = {
        (r["k"], r["t"]): (r["t_r"], r["rv_r"])
        for r in asof_join(left, right, on=["k"], ts="t").collect()
    }
    assert back[(1, 5)] == (None, None)  # must NOT see the null-ts payload
    assert back[(1, 20)] == (10, 100.0)
    assert back[(1, None)] == (None, None)
    assert back[(2, None)] == (None, None)

    fwd = {
        (r["k"], r["t"]): (r["t_r"], r["rv_r"])
        for r in asof_join(left, right, on=["k"], ts="t", kind="forward").collect()
    }
    assert fwd[(1, 5)] == (10, 100.0)
    assert fwd[(1, 20)] == (None, None)
    assert fwd[(1, None)] == (None, None)  # forward left-null leak guard
    assert fwd[(2, None)] == (None, None)


def test_asof_nan_timestamps(spark):
    """Float-ts NaN is the same corruption class as NULL but passes
    isNotNull, and Spark orders NaN GREATER than every double: an
    unfiltered NaN right row sorts to the probe end of the window
    (backward mode's maximum) and leaks its payload; a NaN left ts
    would vacuum up the max-ts right payload. Both must null-match,
    mirroring pandas merge_asof's rejection of NaN keys."""
    nan = float("nan")
    left = spark.createDataFrame(
        [(1, 5.0), (1, 20.0), (1, nan)], "k: long, t: double"
    )
    right = spark.createDataFrame(
        [(1, nan, -1.0), (1, 10.0, 100.0)], "k: long, t: double, rv: double"
    )

    def key(t):
        return "nan" if t != t else t

    back = {
        (r["k"], key(r["t"])): (r["t_r"], r["rv_r"])
        for r in asof_join(left, right, on=["k"], ts="t").collect()
    }
    assert back[(1, 5.0)] == (None, None)
    assert back[(1, 20.0)] == (10.0, 100.0)
    assert back[(1, "nan")] == (None, None)  # NaN left ts: null match

    fwd = {
        (r["k"], key(r["t"])): (r["t_r"], r["rv_r"])
        for r in asof_join(left, right, on=["k"], ts="t", kind="forward").collect()
    }
    assert fwd[(1, 5.0)] == (10.0, 100.0)
    assert fwd[(1, 20.0)] == (None, None)  # must NOT see the NaN-ts payload
    assert fwd[(1, "nan")] == (None, None)


def _persisted_count(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return len(jmap.keySet().toArray())


def test_cc_distributed_unpersists_superseded_rounds(spark):
    """VERDICT r3 #1: the loop must free each superseded round's
    localCheckpoint blocks — after the run at most ONE label snapshot
    (the returned one) may remain pinned beyond the pre-run set."""
    before = _persisted_count(spark)
    edges = [(i, i + 1) for i in range(0, 300)]  # long chain -> many rounds
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    out = connected_components(df, small_graph_max=0)
    n = out.count()
    assert n == 301
    after = _persisted_count(spark)
    assert after <= before + 1, (before, after)
    # fast path pins nothing at all
    out2 = connected_components(df)
    assert out2.count() == 301
    assert _persisted_count(spark) <= before + 1


def test_cc_parquet_round_files(spark, tmp_path):
    """VERDICT r3 #5: with a checkpoint dir, rounds persist as parquet
    files; intermediates are deleted as soon as their successor lands,
    and the final file backs the returned DataFrame."""
    import os

    ckpt = str(tmp_path / "cc")
    edges = [(i, i + 1) for i in range(0, 64)] + [(500, 501)]
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    out = connected_components(df, small_graph_max=0, checkpoint_dir=ckpt)
    got = {r["id"]: r["comp"] for r in out.collect()}
    assert got == _uf_components(edges)
    runs = sorted(d for d in os.listdir(ckpt) if d.startswith("run_"))
    assert len(runs) == 1, runs  # one per-call unique run directory
    inside = sorted(os.listdir(os.path.join(ckpt, runs[0])))
    rounds = [d for d in inside if d.startswith("round_")]
    assert len(rounds) == 1, inside  # only the final round file survives
    # ...and the edge-set parquet is cleaned up after the loop
    assert not any(d.startswith("edges") for d in inside), inside
    # the returned frame literally reads from that file
    re_read = spark.read.parquet(f"{ckpt}/{runs[0]}/{rounds[0]}")
    assert re_read.count() == len(got)


def test_cc_checkpoint_dir_autodetected(spark, tmp_path):
    """sparkContext.setCheckpointDir engages the durable arm without an
    explicit kwarg (and the repo never leaves the dir set)."""
    import os

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "auto"))
    try:
        edges = [(1, 2), (2, 3), (9, 10)]
        df = spark.createDataFrame(edges, "id_a: long, id_b: long")
        out = connected_components(df, small_graph_max=0)
        assert {r["id"]: r["comp"] for r in out.collect()} == _uf_components(edges)
        # getCheckpointDir returns a file: URI with a per-app uuid subdir
        local = sc.getCheckpointDir().removeprefix("file:")
        cc_dir = os.path.join(local, "cc_rounds")
        assert os.path.isdir(cc_dir), cc_dir
        runs = [d for d in os.listdir(cc_dir) if d.startswith("run_")]
        assert runs, os.listdir(cc_dir)
        assert any(
            d.startswith("round_") for d in os.listdir(os.path.join(cc_dir, runs[0]))
        )
    finally:
        sc._jsc.sc().setCheckpointDir(None)


def test_cc_two_durable_runs_do_not_clobber(spark, tmp_path):
    """Two connected_components calls sharing one checkpoint dir must not
    overwrite each other's round files: the first call's returned
    DataFrame stays lazily backed by ITS parquet, so a fixed round path
    would silently swap in (or delete) the second run's labels."""
    ckpt = str(tmp_path / "shared")
    g1 = [(i, i + 1) for i in range(0, 40)]  # one 41-node chain
    g2 = [(100 + 2 * i, 101 + 2 * i) for i in range(40)]  # 40 doubletons
    df1 = spark.createDataFrame(g1, "id_a: long, id_b: long")
    df2 = spark.createDataFrame(g2, "id_a: long, id_b: long")
    out1 = connected_components(df1, small_graph_max=0, checkpoint_dir=ckpt)
    out2 = connected_components(df2, small_graph_max=0, checkpoint_dir=ckpt)
    # collect run 1 AFTER run 2 completed — the clobber shape
    assert {r["id"]: r["comp"] for r in out1.collect()} == _uf_components(g1)
    assert {r["id"]: r["comp"] for r in out2.collect()} == _uf_components(g2)


def test_cc_durable_arm_pins_no_executor_memory(spark, tmp_path):
    """The durable arm must be parquet end-to-end — including the EDGE
    SET (a localCheckpoint-ed sym dies with its executor, stranding
    every later round no matter how durable the label files are). No
    persistent RDD may outlive the call, and none may exist mid-plan."""
    before = _persisted_count(spark)
    edges = [(i, i + 1) for i in range(0, 80)]
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    out = connected_components(
        df, small_graph_max=0, checkpoint_dir=str(tmp_path / "cc")
    )
    assert {r["id"]: r["comp"] for r in out.collect()} == _uf_components(edges)
    assert _persisted_count(spark) == before


@pytest.mark.parametrize("durable", [False, True], ids=["memory", "durable"])
def test_cc_failed_round_releases_everything(spark, tmp_path, monkeypatch, durable):
    """A round that raises mid-loop must not strand anything: no
    persistent RDD beyond the pre-run set (the memory arm's edge set
    and labels) and no run directory (the durable arm's files)."""
    import os

    from geotables_jl_spark.operators import dedup

    real_round, calls = dedup._cc_round, []

    def failing_round(sym, lab):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("injected round failure")
        return real_round(sym, lab)

    monkeypatch.setattr(dedup, "_cc_round", failing_round)
    sc = spark.sparkContext
    before = dedup._persistent_ids(sc)
    ckpt = str(tmp_path / "cc")
    edges = [(i, i + 1) for i in range(0, 300)]  # 301-node chain: many rounds
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    with pytest.raises(RuntimeError, match="injected"):
        connected_components(
            df, small_graph_max=0, checkpoint_dir=ckpt if durable else None
        )
    assert len(calls) == 3
    assert dedup._persistent_ids(sc) <= before
    if durable:
        assert not [d for d in os.listdir(ckpt) if d.startswith("run_")]


# ---------------------------------------------------------------------------
# LSH pair_mode / max_bucket (VERDICT r3 tasks #2 and #7)
# ---------------------------------------------------------------------------


def test_dedup_clusters_star_matches_all_pairs_closure(spark):
    """pair_mode='star' (the dedup_clusters default) yields the identical
    verified transitive closure as the literal all-pairs arm."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    alt = "completely different content about spark shuffles and parquet files here"
    rows = [
        (1, base), (2, base + " x"), (3, base + " y"),
        (10, alt), (11, alt + " z"),
        (20, "a short unrelated sentence"), (21, "another unrelated one entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    kw = dict(threshold=0.5, shingle_n=2)
    star = {tuple(r) for r in dedup_clusters(df, "doc_id", "text", pair_mode="star", **kw).collect()}
    allp = {tuple(r) for r in dedup_clusters(df, "doc_id", "text", pair_mode="all", **kw).collect()}
    assert star == allp
    assert star == {(1, 1, 3), (2, 1, 3), (3, 1, 3), (10, 10, 2), (11, 10, 2)}


def test_lsh_max_bucket_valve_on_10k_member_bucket(spark):
    """A 10k-member band bucket (10k byte-identical docs ⇒ identical
    signatures ⇒ one bucket per band) must NOT explode into ~5·10^7
    pairs: the default max_bucket=4096 valve reduces it to star pairs —
    exactly N-1 edges, all anchored at the hub (min id)."""
    from geotables_jl_spark.operators.dedup import minhash_lsh_pairs

    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon zeta eta theta").alias("text"),
    )
    pairs = minhash_lsh_pairs(df, "doc_id", "text", verify=False).collect()
    assert len(pairs) == n - 1
    assert {r["id_a"] for r in pairs} == {0}
    assert {r["id_b"] for r in pairs} == set(range(1, n))


def test_lsh_max_bucket_mixed_small_and_mega(spark):
    """Buckets under max_bucket keep literal all-pairs; only oversize
    buckets degrade to star — both classes in one run."""
    from geotables_jl_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, "mass duplicate page template body content") for i in range(30)]
    rows += [(100 + i, "tiny unique cluster of three docs") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", verify=False, max_bucket=10
        ).collect()
    }
    mega = {(0, i) for i in range(1, 30)}  # star: hub 0 → 29 edges
    small = {(100, 101), (100, 102), (101, 102)}  # all-pairs: 3 edges
    assert got == mega | small


def test_lsh_star_mode_plan_has_no_collect_set(spark):
    """pair_mode='star' must never build a per-bucket member array —
    the plan contains no ObjectHashAggregate/collect_set anywhere."""
    from geotables_jl_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id: long, text: string"
    )
    out = minhash_lsh_pairs(df, "doc_id", "text", verify=False, pair_mode="star")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "ObjectHashAggregate" not in plan, plan[:2000]


def test_lsh_in_cap_pair_explode_is_linear(spark):
    """The in-cap all-pairs explode must build O(B)-sized row buffers,
    never the whole B²/2 pair array in one row (VERDICT r4 'What's
    wrong' #3): the plan uses posexplode + per-member tail slices, no
    flatten-of-nested-transform; the pair SET on a cap-sized bucket is
    the full i<j enumeration."""
    from pyspark.sql import functions as F2

    from geotables_jl_spark.operators.dedup import _explode_bucket_pairs

    n = 4096
    members = spark.range(1).select(
        F2.sequence(F2.lit(0), F2.lit(n - 1)).alias("__ids")
    )
    out = _explode_bucket_pairs(members)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "flatten(transform" not in plan, plan[:2000]
    assert "posexplode" in plan, plan[:2000]
    stats = out.agg(
        F2.count(F2.lit(1)).alias("n"),
        F2.sum(F2.when(F2.col("id_a") < F2.col("id_b"), 0).otherwise(1)).alias("bad"),
        F2.count_distinct("id_a", "id_b").alias("d"),
    ).collect()[0]
    assert stats["n"] == n * (n - 1) // 2 == stats["d"]
    assert stats["bad"] == 0
    # boundary: singleton and empty member arrays emit nothing
    for arr in ([7], []):
        one = spark.createDataFrame([(arr,)], "__ids: array<long>")
        assert _explode_bucket_pairs(one).count() == 0


def test_lsh_pair_mode_validation(spark):
    from geotables_jl_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id: long, text: string")
    with pytest.raises(ValueError, match="pair_mode"):
        minhash_lsh_pairs(df, "doc_id", "text", pair_mode="hub")
