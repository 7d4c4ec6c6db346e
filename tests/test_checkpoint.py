"""Snapshot checkpoint/resume: commit, resume-hit, fingerprint
invalidation, torn-manifest recovery, per-partition lineage metrics,
footer-derived manifests and the job-count contract."""

from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from geotables_jl_spark.plans.checkpoint import LINEAGE_COL, Checkpointer, footer_stats


def _build_counter(spark, calls):
    def build():
        calls.append(1)
        return spark.range(1000).withColumn("v", F.col("id") * 2).repartition(4)

    return build


def test_commit_and_resume(spark, tmp_path):
    cp = Checkpointer(spark, str(tmp_path), run_id="r1")
    calls: list[int] = []
    out1 = cp.stage("s1", "fp-a", _build_counter(spark, calls))
    assert out1.count() == 1000 and len(calls) == 1

    # same fingerprint → snapshot read, no recompute
    out2 = cp.stage("s1", "fp-a", _build_counter(spark, calls))
    assert out2.count() == 1000 and len(calls) == 1

    # changed fingerprint → recompute + new commit
    out3 = cp.stage("s1", "fp-b", _build_counter(spark, calls))
    assert out3.count() == 1000 and len(calls) == 2


def test_manifest_lineage_and_metrics(spark, tmp_path):
    cp = Checkpointer(spark, str(tmp_path), run_id="r2")
    calls: list[int] = []
    out = cp.stage("s1", "fp", _build_counter(spark, calls))
    assert LINEAGE_COL in out.columns

    m = cp.manifest("s1")
    assert m["rows"] == 1000
    assert sum(m["partition_rows"].values()) == 1000
    assert m["partitions"] >= 1

    metrics = [json.loads(l) for l in open(os.path.join(cp.root, "metrics.jsonl"))]
    assert metrics[-1]["event"] == "commit" and metrics[-1]["rows"] == 1000

    cp.stage("s1", "fp", _build_counter(spark, calls))
    metrics = [json.loads(l) for l in open(os.path.join(cp.root, "metrics.jsonl"))]
    assert metrics[-1]["event"] == "resume_hit" and len(calls) == 1


def test_torn_manifest_recomputes(spark, tmp_path):
    cp = Checkpointer(spark, str(tmp_path), run_id="r3")
    calls: list[int] = []
    cp.stage("s1", "fp", _build_counter(spark, calls))
    # simulate a crash mid-commit: corrupt the manifest
    with open(cp._manifest_path("s1"), "w") as f:
        f.write("{not json")
    out = cp.stage("s1", "fp", _build_counter(spark, calls))
    assert out.count() == 1000 and len(calls) == 2


def test_torn_schema_recomputes(spark, tmp_path):
    cp = Checkpointer(spark, str(tmp_path), run_id="r3s")
    calls: list[int] = []
    cp.stage("s1", "fp", _build_counter(spark, calls))
    path = cp._manifest_path("s1")
    with open(path) as f:
        meta = json.load(f)
    meta["schema"] = "struct<id:bigint>"  # parses as neither JSON nor a StructType
    with open(path, "w") as f:
        json.dump(meta, f)
    assert cp.manifest("s1") is None
    out = cp.stage("s1", "fp", _build_counter(spark, calls))
    assert out.count() == 1000 and len(calls) == 2


def test_failed_recompute_leaves_no_stale_manifest(spark, tmp_path):
    """A recompute whose write fails has already emptied ``data/``: the
    old manifest must not survive it and be resumed as a 0-row snapshot."""
    cp = Checkpointer(spark, str(tmp_path), run_id="r5")
    calls: list[int] = []
    cp.stage("s1", "fp-a", _build_counter(spark, calls))

    def failing():
        df = spark.range(1000).repartition(4)
        return df.withColumn(
            "v", F.when(F.col("id") == 500, F.raise_error(F.lit("boom"))).otherwise(F.col("id"))
        )

    with pytest.raises(Exception, match="boom"):
        cp.stage("s1", "fp-b", failing)
    assert cp.manifest("s1") is None

    out = cp.stage("s1", "fp-a", _build_counter(spark, calls))
    assert len(calls) == 2 and out.count() == 1000
    assert cp.manifest("s1")["rows"] == 1000


def test_lineage_is_the_writing_task(spark, tmp_path):
    """An inherited ``_lineage_part`` is overwritten: every data file holds
    exactly the id of the task that wrote it, and the manifest is keyed
    by this stage's partitions, not the upstream's."""
    cp = Checkpointer(spark, str(tmp_path), run_id="r6")
    up = cp.stage("up", "fp", _build_counter(spark, []))
    cp.stage("down", "fp", lambda: up.repartition(3))

    files = glob.glob(os.path.join(cp.root, "down", "data", "*.parquet"))
    assert len(files) == 3
    for f in files:  # Spark names a task's file part-<partition id>-...
        vals = set(pq.read_table(f, columns=[LINEAGE_COL])[LINEAGE_COL].to_pylist())
        assert vals == {int(os.path.basename(f).split("-")[1])}, (f, vals)
    m = cp.manifest("down")
    assert set(m["partition_rows"]) == {"0", "1", "2"} and m["rows"] == 1000


def test_manifest_matches_snapshot_oracle(spark, tmp_path):
    """Footer-derived counts, bounds and schema equal what a scan of the
    snapshot says (the groupBy read-back the commit no longer runs)."""
    cp = Checkpointer(spark, str(tmp_path), run_id="r7")

    def build():
        df = spark.range(1000).repartition(4)
        return df.select(
            "id",
            (F.col("id") * 0.5 - 100.0).alias("x"),
            F.when(F.col("id") % 7 == 0, F.lit(None)).otherwise(F.col("id") % 13).alias("k"),
            F.when(F.col("id") == 3, F.lit(float("nan"))).otherwise(F.col("id") * 1.0).alias("nan"),
            F.col("id").cast("string").alias("s"),
        )

    out = cp.stage("s1", "fp", build)
    m = cp.manifest("s1")
    snap = spark.read.parquet(os.path.join(cp.root, "s1", "data"))
    want = {
        str(r[LINEAGE_COL]): r["cnt"]
        for r in snap.groupBy(LINEAGE_COL).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert m["partition_rows"] == want and m["rows"] == 1000 and m["partitions"] == len(want)
    mm = snap.agg(*[f(c) for c in ("id", "x", "k") for f in (F.min, F.max)]).collect()[0]
    assert m["bounds"]["id"] == [mm[0], mm[1]]
    assert m["bounds"]["x"] == [mm[2], mm[3]]
    assert m["bounds"]["k"] == [mm[4], mm[5]]  # NULLs carry no bound
    assert "nan" not in m["bounds"] and "s" not in m["bounds"]
    assert out.schema == snap.schema
    assert cp.stage("s1", "fp", build).schema == snap.schema


def test_footer_stats_counts_mixed_row_groups(tmp_path):
    """A row group whose lineage min != max (or without statistics) is
    counted from its lineage column alone."""
    import pyarrow as pa

    d = tmp_path / "data"
    d.mkdir()
    t = pa.table({LINEAGE_COL: pa.array([0, 0, 1, 2, 2, 2], pa.int32()), "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]})
    pq.write_table(t, d / "a.parquet", row_group_size=3)
    pq.write_table(t.slice(0, 2), d / "b.parquet", write_statistics=False)
    rows, bounds = footer_stats(str(d), ["v"])
    assert rows == {"0": 4, "1": 1, "2": 3}
    assert bounds == {}  # b.parquet has no min/max for v
    rows, bounds = footer_stats(str(d / "missing"), ["v"])
    assert rows == {} and bounds == {}


def _jobs(spark, group, fn):
    """Spark jobs ``fn()`` launches, counted through its job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_count_contract(spark, tmp_path):
    """A resume hit launches no Spark job; a commit launches no more jobs
    than writing the same frame as plain parquet."""
    cp = Checkpointer(spark, str(tmp_path), run_id="r8")
    calls: list[int] = []
    build = _build_counter(spark, calls)
    ref = str(tmp_path / "ref")
    write_jobs = _jobs(spark, "ckpt_ref_write", lambda: build().write.parquet(ref))
    commit_jobs = _jobs(spark, "ckpt_commit", lambda: cp.stage("s1", "fp", build))
    assert write_jobs >= 1 and commit_jobs <= write_jobs, (commit_jobs, write_jobs)
    assert _jobs(spark, "ckpt_resume", lambda: cp.stage("s1", "fp", build)) == 0
    assert len(calls) == 2
